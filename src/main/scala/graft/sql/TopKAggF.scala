package graft.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** k-bounded min-heap of (score, id) over two parallel primitive arrays
  * (hand-rolled sift: plain-data state, no boxing): the root is the
  * WORST kept entry under (score desc, id asc), so admission is one
  * compare and replacement is one sift-down — O(log k) per candidate,
  * O(k) state per group.
  */
final class TopKState(val k: Int) extends Serializable {
  private val scores = new Array[Double](math.max(1, k))
  private val ids = new Array[Long](math.max(1, k))
  private var size = 0

  // "(s1,i1) ranks strictly lower than (s2,i2)" under (score desc, id
  // asc); Double.compare gives Spark's total order (NaN greatest,
  // -0.0 < 0.0)
  private def worseThan(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
    val c = java.lang.Double.compare(s1, s2)
    c < 0 || (c == 0 && i1 > i2)
  }

  private def siftUp(start: Int): Unit = {
    var i = start
    while (i > 0) {
      val p = (i - 1) >> 1
      if (worseThan(scores(i), ids(i), scores(p), ids(p))) {
        val s = scores(i); val d = ids(i)
        scores(i) = scores(p); ids(i) = ids(p)
        scores(p) = s; ids(p) = d
        i = p
      } else return
    }
  }

  private def siftDown(): Unit = {
    var i = 0
    while (true) {
      val l = 2 * i + 1
      if (l >= size) return
      var c = l
      val r = l + 1
      if (r < size && worseThan(scores(r), ids(r), scores(l), ids(l))) c = r
      if (worseThan(scores(c), ids(c), scores(i), ids(i))) {
        val s = scores(i); val d = ids(i)
        scores(i) = scores(c); ids(i) = ids(c)
        scores(c) = s; ids(c) = d
        i = c
      } else return
    }
  }

  def add(score: Double, id: Long): TopKState = {
    if (k == 0) return this
    if (size < k) {
      scores(size) = score; ids(size) = id
      size += 1
      siftUp(size - 1)
    } else if (worseThan(scores(0), ids(0), score, id)) {
      scores(0) = score; ids(0) = id
      siftDown()
    }
    this
  }

  def merge(o: TopKState): TopKState = {
    var i = 0
    while (i < o.size) { add(o.scores(i), o.ids(i)); i += 1 }
    this
  }

  /** Rank order: best first ((score desc, id asc)). */
  def sorted: Seq[(Long, Double)] = {
    val idx = (0 until size).sortWith { (a, b) =>
      val c = java.lang.Double.compare(scores(a), scores(b))
      c > 0 || (c == 0 && ids(a) < ids(b))
    }
    idx.map(i => (ids(i), scores(i)))
  }

  def toBytes: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + 16 * size)
    bb.putInt(k).putInt(size)
    var i = 0
    while (i < size) { bb.putDouble(scores(i)).putLong(ids(i)); i += 1 }
    bb.array()
  }
}

object TopKState {
  def fromBytes(bytes: Array[Byte]): TopKState = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val st = new TopKState(bb.getInt())
    val n = bb.getInt()
    var i = 0
    // re-adding preserves the row-set (heap layout need not round-trip)
    while (i < n) { st.add(bb.getDouble(), bb.getLong()); i += 1 }
    st
  }
}

/** String-id flavor of [[TopKState]] (round-10 verdict task 5): the same
  * k-bounded min-heap with the id payload as UTF8String — id ties break
  * by UTF8String.compareTo, which is bytewise and therefore identical to
  * Spark's own StringType ordering (UTF8String.binaryCompare backs both),
  * so (score desc, id asc) here equals the window form's ordering
  * exactly. State stays O(k) per group: k doubles + k id byte arrays.
  */
final class TopKStrState(val k: Int) extends Serializable {
  import org.apache.spark.unsafe.types.UTF8String
  private val scores = new Array[Double](math.max(1, k))
  private val ids = new Array[UTF8String](math.max(1, k))
  private var size = 0

  private def worseThan(s1: Double, i1: UTF8String, s2: Double, i2: UTF8String): Boolean = {
    val c = java.lang.Double.compare(s1, s2)
    c < 0 || (c == 0 && i1.compareTo(i2) > 0)
  }

  private def siftUp(start: Int): Unit = {
    var i = start
    while (i > 0) {
      val p = (i - 1) >> 1
      if (worseThan(scores(i), ids(i), scores(p), ids(p))) {
        val s = scores(i); val d = ids(i)
        scores(i) = scores(p); ids(i) = ids(p)
        scores(p) = s; ids(p) = d
        i = p
      } else return
    }
  }

  private def siftDown(): Unit = {
    var i = 0
    while (true) {
      val l = 2 * i + 1
      if (l >= size) return
      var c = l
      val r = l + 1
      if (r < size && worseThan(scores(r), ids(r), scores(l), ids(l))) c = r
      if (worseThan(scores(c), ids(c), scores(i), ids(i))) {
        val s = scores(i); val d = ids(i)
        scores(i) = scores(c); ids(i) = ids(c)
        scores(c) = s; ids(c) = d
        i = c
      } else return
    }
  }

  /** `id` must be OWNED by the state (callers pass a clone() when the
    * source buffer is reused — TopKStrAggF.update does). */
  def add(score: Double, id: UTF8String): TopKStrState = {
    if (k == 0) return this
    if (size < k) {
      scores(size) = score; ids(size) = id
      size += 1
      siftUp(size - 1)
    } else if (worseThan(scores(0), ids(0), score, id)) {
      scores(0) = score; ids(0) = id
      siftDown()
    }
    this
  }

  def merge(o: TopKStrState): TopKStrState = {
    var i = 0
    while (i < o.size) { add(o.scores(i), o.ids(i)); i += 1 }
    this
  }

  /** Rank order: best first ((score desc, id asc)). */
  def sorted: Seq[(UTF8String, Double)] = {
    val idx = (0 until size).sortWith { (a, b) =>
      val c = java.lang.Double.compare(scores(a), scores(b))
      c > 0 || (c == 0 && ids(a).compareTo(ids(b)) < 0)
    }
    idx.map(i => (ids(i), scores(i)))
  }

  def toBytes: Array[Byte] = {
    val payload = (0 until size).map(i => ids(i).getBytes)
    val bb = java.nio.ByteBuffer.allocate(
      8 + 12 * size + payload.map(_.length).sum)
    bb.putInt(k).putInt(size)
    var i = 0
    while (i < size) {
      bb.putDouble(scores(i)).putInt(payload(i).length).put(payload(i))
      i += 1
    }
    bb.array()
  }
}

object TopKStrState {
  def fromBytes(bytes: Array[Byte]): TopKStrState = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val st = new TopKStrState(bb.getInt())
    val n = bb.getInt()
    var i = 0
    while (i < n) {
      val s = bb.getDouble()
      val idBytes = new Array[Byte](bb.getInt())
      bb.get(idBytes)
      st.add(s, org.apache.spark.unsafe.types.UTF8String.fromBytes(idBytes))
      i += 1
    }
    st
  }
}

/** Native bounded top-k aggregate — `graft_topk(score, id, k)` → the
  * group's k best (score desc, id asc) rows as
  * array<struct<id: bigint, score: double>>, best first.
  *
  * A `row_number() OVER (PARTITION BY g ORDER BY s)` top-k must shuffle
  * EVERY candidate row to its group's reducer before one row can be
  * discarded; this aggregate keeps the k-bounded heap per group on the
  * MAP side (ObjectHashAggregate partial mode), so the exchange carries
  * `groups × k` survivors — output-sized, not candidate-sized. That is
  * the 100 TB shape for generated candidate sets (broadcast-scored
  * retrieval: users × catalog — TwoTower.recommend's 38M candidate rows
  * at sf0.1 reduce to 19k exchanged rows).
  *
  * A native TypedImperativeAggregate, not an Aggregator/udaf: the typed
  * path decodes every input row through an ExpressionEncoder
  * (measured 5× the whole query's budget at 38M rows); update here
  * reads the two child expressions off the InternalRow directly.
  *
  * NULL handling: rows with null score or id are ignored — under Spark's
  * default DESC NULLS LAST they could only rank below every non-null
  * candidate. (Groups with fewer than k non-null rows return fewer
  * entries rather than null-padded ones.)
  *
  * Ordering ties on score break toward the smaller id; score comparison
  * is java.lang.Double.compare — Spark's total order (NaN greatest,
  * -0.0 < 0.0) — so the emitted row-set equals the window form exactly
  * (TopKAggSpec; oracle q178).
  *
  * Reference behavior covered: my_merlin_flow.py:478-481 (top-k
  * retrieval serving cut).
  */
case class TopKAggF(
    score: Expression, id: Expression, kExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKState] with TernaryLike[Expression] {

  private lazy val k: Int = GraftFunctions.intLiteral(prettyName, "k", kExpr)

  override def createAggregationBuffer(): TopKState = new TopKState(k)

  override def update(b: TopKState, input: InternalRow): TopKState = {
    val s = score.eval(input)
    if (s == null) return b
    val i = id.eval(input)
    if (i == null) return b
    b.add(s.asInstanceOf[Double], i.asInstanceOf[Long])
  }

  override def merge(b: TopKState, o: TopKState): TopKState = b.merge(o)

  override def eval(b: TopKState): Any =
    new GenericArrayData(b.sorted.map { case (i, s) =>
      InternalRow(i, s)
    }.toArray[Any])

  override def serialize(b: TopKState): Array[Byte] = b.toBytes

  override def deserialize(bytes: Array[Byte]): TopKState =
    TopKState.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAggF =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): TopKAggF =
    copy(inputAggBufferOffset = newOffset)

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false

  override def first: Expression = score
  override def second: Expression = id
  override def third: Expression = kExpr

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (score.dataType != DoubleType)
      TypeCheckFailure(s"graft_topk score must be double, got ${score.dataType}")
    else if (id.dataType != LongType)
      TypeCheckFailure(s"graft_topk id must be bigint, got ${id.dataType}")
    else try {
      if (k >= 0) TypeCheckSuccess
      else TypeCheckFailure(s"$prettyName k must be >= 0, got $k")
    } catch {
      case e: IllegalArgumentException => TypeCheckFailure(e.getMessage)
    }
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): TopKAggF =
    copy(score = newFirst, id = newSecond, kExpr = newThird)

  override def prettyName: String = "graft_topk"
}

/** `graft_topk_str(score, id, k)` — [[TopKAggF]] with STRING ids (round-10
  * verdict task 5): Categorify-string catalogs, UUIDs, URL keys. Same
  * map-side k-bounded heap, same groups×k exchange; id ties break
  * bytewise (UTF8String.compareTo == Spark's StringType ordering), so the
  * row-set equals `row_number() OVER (ORDER BY score DESC, id ASC)`
  * exactly (TopKAggSpec string fixture). Null score or id rows are
  * ignored, like the long form. Dispatched automatically by
  * Relational.topKPerGroupAgg when the id column is a string.
  */
case class TopKStrAggF(
    score: Expression, id: Expression, kExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKStrState] with TernaryLike[Expression] {

  private lazy val k: Int = GraftFunctions.intLiteral(prettyName, "k", kExpr)

  override def createAggregationBuffer(): TopKStrState = new TopKStrState(k)

  override def update(b: TopKStrState, input: InternalRow): TopKStrState = {
    val s = score.eval(input)
    if (s == null) return b
    val i = id.eval(input)
    if (i == null) return b
    // clone: the UTF8String points into a row buffer the scan reuses
    b.add(s.asInstanceOf[Double],
      i.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].clone())
  }

  override def merge(b: TopKStrState, o: TopKStrState): TopKStrState = b.merge(o)

  override def eval(b: TopKStrState): Any =
    new GenericArrayData(b.sorted.map { case (i, s) =>
      InternalRow(i, s)
    }.toArray[Any])

  override def serialize(b: TopKStrState): Array[Byte] = b.toBytes

  override def deserialize(bytes: Array[Byte]): TopKStrState =
    TopKStrState.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKStrAggF =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): TopKStrAggF =
    copy(inputAggBufferOffset = newOffset)

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("id", StringType, nullable = false),
      StructField("score", DoubleType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false

  override def first: Expression = score
  override def second: Expression = id
  override def third: Expression = kExpr

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (score.dataType != DoubleType)
      TypeCheckFailure(s"graft_topk_str score must be double, got ${score.dataType}")
    else if (id.dataType != StringType)
      TypeCheckFailure(s"graft_topk_str id must be string, got ${id.dataType}")
    else try {
      if (k >= 0) TypeCheckSuccess
      else TypeCheckFailure(s"$prettyName k must be >= 0, got $k")
    } catch {
      case e: IllegalArgumentException => TypeCheckFailure(e.getMessage)
    }
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): TopKStrAggF =
    copy(score = newFirst, id = newSecond, kExpr = newThird)

  override def prettyName: String = "graft_topk_str"
}
