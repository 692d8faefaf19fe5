package graft.sql

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StructField, StructType}

/** Fused IVF-probed top-k retrieval: for one query vector, pick the
  * `nprobe` nearest of `nlist` coarse cells (the exact IvfProbeF32
  * arithmetic — ‖c‖² − 2·q·c in double, ties → lower cid), scan ONLY
  * those cells' rows of a cell-grouped broadcast catalog with the DotF32
  * dot product, skip ids in the row's `seen` array, and return the k best
  * (score desc, item_id asc) best-first — sql.TopKDotF32's serving
  * contract at nprobe/nlist of its work.
  *
  * This is the middle rung of the serving ladder (round 12): the DENSE
  * fused kernel scans the whole catalog per query (right while queries ×
  * catalog dots fit the wall); the JOIN-based ANN plan
  * (sim.Retrieval.topKAnn's cid equi-join) is the only option past the
  * broadcast budget; this kernel serves the regime between them —
  * catalog fits an executor broadcast, but users × catalog is too much
  * compute — by fusing probe + cell scan + heap into one expression
  * eval per query: candidates never exist as rows (the join plan
  * materializes nprobe/nlist × |catalog| rows PER QUERY), the seen
  * anti-join is a row-local binary search, and the plan's only exchanges
  * are the seen aggregation and the row-count repartition. Emits rows
  * IDENTICAL to the join plan (same candidate set — cell assignment is
  * shared via the index build — same dot arithmetic, same (score desc,
  * id asc) Double.compare order; spec-pinned in RetrievalSpec).
  *
  * The catalog ships as a [[TopKDotIvfF32.CellCatalog]] behind a
  * `sparkContext.broadcast` handle (the TopKDotF32 round-12 layout): ids
  * and vectors grouped by cell with an offsets table, plus the bounded
  * centroid matrix for in-kernel probing. One copy per executor;
  * expression equality is the broadcast id.
  */
case class TopKDotIvfF32(left: Expression, right: Expression,
    catalog: Broadcast[TopKDotIvfF32.CellCatalog], k: Int, nprobe: Int)
    extends BinaryExpression {

  require(k >= 1, s"k must be >= 1, got $k")
  require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")

  private val n = catalog.value.ids.length
  private val dim = catalog.value.dim
  private val nlist = catalog.value.centNorm2.length
  require(n > 0, "TopKDotIvfF32 requires a non-empty catalog")
  private val kept = math.min(k, n)
  private val probes = math.min(nprobe, nlist)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float>, array<long>), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("item_id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "graft_topk_dot_ivf_f32"

  override def toString: String =
    s"$prettyName($left, $right, bcast=${catalog.id}, n=$n, dim=$dim, " +
      s"nlist=$nlist, nprobe=$probes, k=$k)"

  override def equals(o: Any): Boolean = o match {
    case that: TopKDotIvfF32 =>
      left == that.left && right == that.right && k == that.k &&
        nprobe == that.nprobe && catalog.id == that.catalog.id
    case _ => false
  }

  override def hashCode: Int =
    (((left.hashCode * 31 + right.hashCode) * 31 + k) * 31 + nprobe) * 31 +
      java.lang.Long.hashCode(catalog.id)

  /** Shared by eval and generated code (via reference object). */
  def topk(v: ArrayData, seen: ArrayData): ArrayData = {
    val cat = catalog.value
    val cents = cat.centFlat
    val cn2 = cat.centNorm2
    val offsets = cat.offsets
    val ids = cat.ids
    val flat = cat.flat
    val vn = math.min(v.numElements(), dim)
    val va = new Array[Float](vn)
    var j = 0
    while (j < vn) { va(j) = v.getFloat(j); j += 1 }
    // --- probe: nprobe smallest (‖c‖² − 2 q·c, cid) — the IvfProbeF32
    // distance and tie rule, so the probed set equals the join plan's
    val pDist = new Array[Double](probes)
    val pCid = new Array[Int](probes)
    var filledP = 0
    var cix = 0
    while (cix < nlist) {
      var d = 0.0
      var i = 0
      val base = cix * dim
      while (i < vn) { d += va(i).toDouble * cents(base + i).toDouble; i += 1 }
      val dist = cn2(cix) - 2.0 * d
      // strict-less insertion over an ascending-cid visit = ties keep the
      // earlier (lower) cid — IvfProbeF32's exact rule, so the probed set
      // equals the join plan's
      if (filledP < probes || dist < pDist(filledP - 1)) {
        var p = math.min(filledP, probes - 1)
        while (p > 0 && dist < pDist(p - 1)) {
          pDist(p) = pDist(p - 1); pCid(p) = pCid(p - 1); p -= 1
        }
        pDist(p) = dist; pCid(p) = cix
        if (filledP < probes) filledP += 1
      }
      cix += 1
    }
    // --- scan the probed cells only
    val s = TopKDotF32.sortedSeen(seen)
    val topSc = new Array[Double](kept)
    val topId = new Array[Long](kept)
    var filled = 0
    var pi = 0
    while (pi < filledP) {
      val cid = pCid(pi)
      var c = offsets(cid)
      val end = offsets(cid + 1)
      while (c < end) {
        val id = ids(c)
        if (java.util.Arrays.binarySearch(s, id) < 0) {
          var acc = 0.0
          var i = 0
          val base = c * dim
          while (i < vn) { acc += va(i).toDouble * flat(base + i).toDouble; i += 1 }
          if (filled < kept || {
            val cmp = java.lang.Double.compare(acc, topSc(filled - 1))
            cmp > 0 || (cmp == 0 && id < topId(filled - 1))
          }) {
            var p = math.min(filled, kept - 1)
            while (p > 0 && {
              val cmp = java.lang.Double.compare(acc, topSc(p - 1))
              cmp > 0 || (cmp == 0 && id < topId(p - 1))
            }) { topSc(p) = topSc(p - 1); topId(p) = topId(p - 1); p -= 1 }
            topSc(p) = acc; topId(p) = id
            if (filled < kept) filled += 1
          }
        }
        c += 1
      }
      pi += 1
    }
    val out = new Array[Any](filled)
    var r = 0
    while (r < filled) {
      out(r) = new GenericInternalRow(Array[Any](topId(r), topSc(r)))
      r += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    topk(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("topkIvf", this, classOf[TopKDotIvfF32].getName)
    nullSafeCodeGen(ctx, ev, (v, s) => s"${ev.value} = $self.topk($v, $s);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object TopKDotIvfF32 {

  /** The broadcast payload: catalog rows grouped by cell — `offsets(cid)`
    * .. `offsets(cid+1)` index into `ids`/`flat`, ids ASCENDING within a
    * cell — plus the flattened centroid matrix and its precomputed
    * ‖c‖² terms for in-kernel probing. */
  final class CellCatalog(val offsets: Array[Int], val ids: Array[Long],
      val flat: Array[Float], val centFlat: Array[Float],
      val centNorm2: Array[Double], val dim: Int) extends Serializable

  /** The rows whose cell is in [0, nlist), sorted (cell, id); equal keys
    * keep their order (a merge sort over a primitive `Int` array). */
  private[graft] def cellOrder(ids: Array[Long], cells: Array[Long], nlist: Int): Array[Int] = {
    val order = Array.range(0, ids.length).filter(r => cells(r) >= 0 && cells(r) < nlist)
    scala.util.Sorting.stableSort(order, (a: Int, b: Int) =>
      cells(a) < cells(b) || (cells(a) == cells(b) && ids(a) < ids(b)))
    order
  }

  /** Group rows — parallel `ids`, cell ids and vectors — into the cell
    * layout. Rows are sorted (cid, id) so within-cell visit order is
    * id-ascending (ties admit the smaller id first; the heap comparator
    * enforces the order anyway). `cells` outside [0, nlist) are dropped —
    * they cannot be probed. */
  def group(ids: Array[Long], cells: Array[Long], vecs: Array[Array[Float]],
      centroids: Array[Array[Float]]): CellCatalog = {
    require(ids.nonEmpty, "empty catalog")
    require(centroids.nonEmpty, "empty quantizer")
    val nlist = centroids.length
    val dim = centroids(0).length
    val valid = cellOrder(ids, cells, nlist)
    val n = valid.length
    require(n > 0, "no catalog row carries a probe-able cell id")
    val offsets = new Array[Int](nlist + 1)
    val sorted = new Array[Long](n)
    val flat = new Array[Float](n * dim)
    var i = 0
    while (i < n) {
      val r = valid(i)
      sorted(i) = ids(r)
      System.arraycopy(vecs(r), 0, flat, i * dim, math.min(vecs(r).length, dim))
      offsets(cells(r).toInt + 1) += 1
      i += 1
    }
    var c = 0
    while (c < nlist) { offsets(c + 1) += offsets(c); c += 1 }
    val centFlat = new Array[Float](nlist * dim)
    val centNorm2 = new Array[Double](nlist)
    c = 0
    while (c < nlist) {
      val cv = centroids(c)
      System.arraycopy(cv, 0, centFlat, c * dim, math.min(cv.length, dim))
      var s = 0.0
      var j = 0
      while (j < math.min(cv.length, dim)) {
        s += cv(j).toDouble * cv(j).toDouble; j += 1
      }
      centNorm2(c) = s
      c += 1
    }
    new CellCatalog(offsets, sorted, flat, centFlat, centNorm2, dim)
  }

  /** Column builder over a published (broadcast) cell catalog. */
  def fused(vec: Column, seen: Column, catalog: Broadcast[CellCatalog],
      k: Int, nprobe: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      TopKDotIvfF32(
        org.apache.spark.sql.graft.ColumnBridge.expression(vec),
        org.apache.spark.sql.graft.ColumnBridge.expression(seen),
        catalog, k, nprobe))
}
