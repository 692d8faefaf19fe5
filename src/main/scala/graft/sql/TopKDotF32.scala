package graft.sql

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StructField, StructType}

/** Fused brute-force top-k retrieval against a held item catalog: for one
  * user/query vector, score EVERY catalog item with the DotF32 dot product
  * (identical float-product/double-sum arithmetic — bit-equal scores), or
  * with the cosineF32 composition when `cosine` is set (dot / (‖q‖·‖c‖),
  * same sqrt/multiply/divide association — bit-equal to the unfused
  * cosine), skip ids present in the row's `seen` array, and return the k
  * best (score desc, item_id asc) as array<struct<item_id,score>>
  * best-first (reference analog: the serving-side user·item ranking,
  * my_merlin_flow.py:536-556 / pred_inspector.py:103-108).
  *
  * This collapses the serving plan `users crossJoin broadcast(items) →
  * DotF32 → anti-join(seen) → k-bounded aggregate` — which materializes
  * users × catalog candidate ROWS (38M at sf0.1's 1.9k users × 20k items)
  * through codegen, probes each against the seen broadcast, and heaps them
  * back down — into one expression eval per USER: the candidates never
  * exist as rows, the anti-join becomes a sorted-array membership test on
  * the row's own bounded history, and the only exchange in the whole plan
  * is the small seen-set aggregation. Same (score desc, id asc) order and
  * Double.compare total order as sql.TopKAggF, so output is row-identical
  * to the unfused plan (spec-pinned in TwoTowerSpec/KnnSpec).
  *
  * The catalog ships as a [[TopKDotF32.FlatCatalog]] — ids sorted
  * ascending, vectors flattened row-major, per-row norms precomputed when
  * cosine-scored — behind a `sparkContext.broadcast` HANDLE (round-12
  * advice): executors store the matrix ONCE in their block manager and
  * every task reads the same copy, unlike the previous
  * reference-object form, which deserialized a private copy per running
  * task from the task binary and then flattened a second copy per
  * instance (~2× catalog bytes × concurrent tasks). The expression itself
  * serializes to a few bytes; plan size stays O(1) in catalog size and
  * whole-stage codegen never falls back. The broadcast is reclaimed by
  * the ContextCleaner once the plan holding the handle is garbage —
  * callers that cache catalogs across queries manage their own handle
  * (sim.Retrieval.CatalogCache). Catalogs past the caller's float budget
  * (TwoTower.recommend guards at ~64M floats ≈ 256 MB) belong to the ANN
  * stack (IVF/IVFADC), not this kernel.
  *
  * Inputs: left = query vector array<float>; right = seen ids array<long>
  * (callers coalesce a missing history to the empty array — a NULL seen
  * set nulls the whole row out under BinaryExpression semantics, which
  * the callers' posexplode then drops).
  */
case class TopKDotF32(left: Expression, right: Expression,
    catalog: Broadcast[TopKDotF32.FlatCatalog], k: Int, cosine: Boolean)
    extends BinaryExpression {

  require(k >= 1, s"k must be >= 1, got $k")

  // Read once driver-side at construction (the broadcast value is local
  // there); serialized as plain ints so executor copies and toString never
  // touch catalog.value for metadata.
  private val n = catalog.value.n
  private val dim = catalog.value.dim
  require(n > 0, "TopKDotF32 requires a non-empty catalog")
  require(!cosine || catalog.value.norms != null,
    "cosine scoring needs a FlatCatalog flattened with cosine=true")
  private val kept = math.min(k, n)

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

  override def prettyName: String = "graft_topk_dot_f32"

  // O(catalog) toString would undo the plan-size win in explain output.
  override def toString: String =
    s"$prettyName($left, $right, bcast=${catalog.id}, n=$n, dim=$dim, k=$k" +
      (if (cosine) ", cosine" else "") + ")"

  // Identity = the broadcast id (one broadcast per published catalog), so
  // Catalyst CSE across the caller's posexplode references stays cheap:
  // no O(catalog) content hash per canonicalization pass (round-12
  // advice — the content-based form made planning cost scale with
  // catalog size).
  override def equals(o: Any): Boolean = o match {
    case that: TopKDotF32 =>
      left == that.left && right == that.right && k == that.k &&
        cosine == that.cosine && catalog.id == that.catalog.id
    case _ => false
  }

  override def hashCode: Int =
    ((left.hashCode * 31 + right.hashCode) * 31 + k) * 31 +
      java.lang.Long.hashCode(catalog.id) + (if (cosine) 1 else 0)

  /** Shared by eval and generated code (via reference object). */
  def topk(v: ArrayData, seen: ArrayData): ArrayData = {
    val cat = catalog.value
    val sortedIds = cat.ids
    val flat = cat.flat
    val norms = cat.norms
    val vn = math.min(v.numElements(), dim)
    val va = new Array[Float](vn)
    var j = 0
    while (j < vn) { va(j) = v.getFloat(j); j += 1 }
    // query norm once per row, same association as cosineF32's
    // sqrt(dotF32(a, a)) — float products summed as double, then sqrt
    var qNorm = 0.0
    if (cosine) {
      var qq = 0.0
      var i = 0
      while (i < vn) { qq += va(i).toDouble * va(i).toDouble; i += 1 }
      qNorm = math.sqrt(qq)
    }
    val s = TopKDotF32.sortedSeen(seen)
    val topSc = new Array[Double](kept)
    val topId = new Array[Long](kept)
    var filled = 0
    var c = 0
    while (c < n) {
      val id = sortedIds(c)
      if (java.util.Arrays.binarySearch(s, id) < 0) {
        var acc = 0.0
        var i = 0
        val base = c * dim
        while (i < vn) { acc += va(i).toDouble * flat(base + i).toDouble; i += 1 }
        // cosineF32 association: dot / (sqrt(q·q) * sqrt(c·c))
        if (cosine) acc = acc / (qNorm * norms(c))
        // admit iff (acc, id) ranks strictly above the worst kept entry
        // under (score desc, id asc); Double.compare = Spark total order
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
    val self = ctx.addReferenceObj("topkDot", this, classOf[TopKDotF32].getName)
    nullSafeCodeGen(ctx, ev, (v, s) => s"${ev.value} = $self.topk($v, $s);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object TopKDotF32 {

  /** A row's seen ids for both vector kernels: the non-NULL elements of
    * `seen` (a NULL is no item, never item 0), sorted for binary-search
    * membership. */
  private[sql] def sortedSeen(seen: ArrayData): Array[Long] = {
    val b = new scala.collection.mutable.ArrayBuilder.ofLong
    var i = 0
    while (i < seen.numElements()) { if (!seen.isNullAt(i)) b += seen.getLong(i); i += 1 }
    val s = b.result()
    java.util.Arrays.sort(s)
    s
  }

  /** The broadcast payload: catalog ids ASCENDING (equal scores admit the
    * smaller id first; the kernel's insertion comparator enforces the
    * order regardless — ascending visit just makes ties cheap), vectors
    * flattened row-major in the same order, and — when built for cosine
    * scoring — per-row L2 norms with DotF32's exact association
    * (sqrt of float products summed as double). */
  final class FlatCatalog(val ids: Array[Long], val flat: Array[Float],
      val norms: Array[Double], val dim: Int) extends Serializable {
    def n: Int = ids.length
    def floats: Long = flat.length.toLong
  }

  /** Flatten (ids, vectors) into the broadcast payload, `dim` = the first
    * vector's length. Rows whose vector is shorter are zero-padded and
    * longer ones truncated, which matches DotF32 only when every vector
    * has one length: the collected catalogs are admitted only then
    * (`Retrieval.flatCatalog`), so this shapes only a SQL literal catalog.
    * Done ONCE, driver-side, BEFORE the broadcast — executors never
    * re-flatten (round-12 advice). */
  def flatten(ids: Array[Long], vecs: Array[Array[Float]],
      cosine: Boolean): FlatCatalog = {
    require(ids.length == vecs.length,
      s"ids (${ids.length}) and vectors (${vecs.length}) must align")
    require(ids.nonEmpty, "empty catalog")
    val n = ids.length
    val dim = vecs(0).length
    val order = idOrder(ids)
    val sorted = new Array[Long](n)
    val flat = new Array[Float](n * dim)
    val norms = if (cosine) new Array[Double](n) else null
    var i = 0
    while (i < n) {
      val src = order(i)
      sorted(i) = ids(src)
      val v = vecs(src)
      val m = math.min(v.length, dim)
      System.arraycopy(v, 0, flat, i * dim, m)
      if (cosine) {
        var cc = 0.0
        var j = 0
        while (j < m) { cc += v(j).toDouble * v(j).toDouble; j += 1 }
        norms(i) = math.sqrt(cc)
      }
      i += 1
    }
    new FlatCatalog(sorted, flat, norms, dim)
  }

  /** The permutation that visits `ids` ascending; equal ids keep their
    * order (a merge sort over a primitive `Int` array). */
  private[graft] def idOrder(ids: Array[Long]): Array[Int] = {
    val order = Array.range(0, ids.length)
    scala.util.Sorting.stableSort(order, (a: Int, b: Int) => ids(a) < ids(b))
    order
  }

  /** Column builder over a published (broadcast) catalog — the form every
    * caller with a SparkContext should use; the catalog is stored once
    * per executor. */
  def fused(vec: Column, seen: Column, catalog: Broadcast[FlatCatalog],
      k: Int, cosine: Boolean = false): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      TopKDotF32(
        org.apache.spark.sql.graft.ColumnBridge.expression(vec),
        org.apache.spark.sql.graft.ColumnBridge.expression(seen),
        catalog, k, cosine))

  /** Registry-style builder (the SQL surface `graft_topk_dot_f32`): ids,
    * vectors, and k must be foldable (typedLit arrays and a lit int).
    * Broadcasts the flattened catalog through the active session — same
    * executor-shared storage as [[fused]]; the literal children are
    * discarded after this resolution-time eval. */
  def fromExprs(vec: Expression, seen: Expression, idsExpr: Expression,
      itemsExpr: Expression, kExpr: Expression): TopKDotF32 = {
    import GraftFunctions.{arrayLiteral, TopKDotName}
    // checked before the broadcast so a bad argument leaks no catalog copy
    val k = GraftFunctions.intLiteral(TopKDotName, "k", kExpr)
    val ids = arrayLiteral(TopKDotName, "ids", idsExpr).toLongArray()
    val rows = arrayLiteral(TopKDotName, "vectors", itemsExpr)
    val m = (0 until rows.numElements()).map(i => rows.getArray(i).toFloatArray()).toArray
    val bc = org.apache.spark.sql.SparkSession.active.sparkContext
      .broadcast(flatten(ids, m, cosine = false))
    TopKDotF32(vec, seen, bc, k, cosine = false)
  }
}
